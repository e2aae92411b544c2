"""Staged replay is result-identical to sequential apply.

`runner.replay` stages epochs ahead on a pool (a MoR stage writes the
delta, one epoch per core; a COW stage prefetches the LWW winners, one
epoch ahead) and commits them in epoch order on the calling thread.
These tests pin it against a test-local width-1 reference —
``apply_epoch`` per epoch with replay's ``expected_seq_range``/
``pid_bounds``, then ``maybe_compact`` — in both table modes: state
hash, ledger seq ranges, lineage multiset and the walgen oracle, plus
the commit order itself and the stage pool's width.
"""

from __future__ import annotations

import threading

import pytest

from cdc_engine import CdcConfig, SnapLake, apply_epoch, replay, runner
from cdc_engine.schemas import PAGES_SCHEMA_V1
from cdc_engine.source import partition_pid_bounds, read_seq_range
from cdc_engine.verify import assert_matches_oracle

LINEAGE_COLS = [
    "epoch_id", "partition_id", "first_seq", "last_seq", "rows_in",
    "rows_quarantined", "rows_upserted", "rows_deleted", "rows_late_ignored",
    "bytes",
]


def _cfg(wcfg):
    return CdcConfig(events_per_epoch=wcfg.events_per_epoch, n_buckets=8)


def _lake(tmp_path, name, mode):
    return SnapLake.create(str(tmp_path / name), PAGES_SCHEMA_V1, n_buckets=8, mode=mode)


def _sequential(spark, tmp_path, wal_dir, wcfg, mode):
    """The width-1 reference: one epoch at a time, as replay cuts them."""
    lake = _lake(tmp_path, f"lake_seq_{mode}", mode)
    cfg, e, n = _cfg(wcfg), wcfg.events_per_epoch, wcfg.n_events
    pid_bounds = partition_pid_bounds(wal_dir, 0, n)
    for k in range(-(-n // e)):
        batch = read_seq_range(spark, wal_dir, k * e, (k + 1) * e)
        r = apply_epoch(
            spark, lake, batch, k, cfg,
            expected_seq_range=(k * e, (k + 1) * e), pid_bounds=pid_bounds,
        )
        if r is not None:
            lake.maybe_compact(spark, cfg.compact_after_files)
    return lake


def _ledger(lake):
    return {e: (v["first_seq"], v["last_seq"]) for e, v in lake.committed_epochs().items()}


def _lineage(spark, lake):
    return sorted(tuple(r) for r in lake.lineage_df(spark).select(*LINEAGE_COLS).collect())


def _assert_same_as_sequential(spark, lake, ref, oracle):
    assert lake.state_hash(spark) == ref.state_hash(spark)
    assert _ledger(lake) == _ledger(ref)
    # staging ahead must not drop, duplicate or re-attribute lineage
    assert _lineage(spark, lake) == _lineage(spark, ref)
    assert_matches_oracle(lake.scan(spark), oracle)


def test_pipelined_widths_equivalent(spark, wal_basic, tmp_path):
    """MoR: replay's two-stage pool against the width-1 reference; its
    manifests record the epochs in order."""
    wal_dir, wcfg, oracle = wal_basic
    lake = _lake(tmp_path, "lake_mor", "mor")
    replay(spark, lake, wal_dir, _cfg(wcfg))
    ref = _sequential(spark, tmp_path, wal_dir, wcfg, "mor")
    _assert_same_as_sequential(spark, lake, ref, oracle)

    n = -(-wcfg.n_events // wcfg.events_per_epoch)
    assert lake.head_version() == n  # too few files per bucket to compact
    assert [lake.manifest(v)["summary"]["epoch_id"] for v in range(1, n + 1)] == list(range(n))


def test_cow_prefetch_equivalent_to_sequential(spark, wal_basic, tmp_path):
    """COW: replay prepares epoch k+1 while epoch k merges; the merges
    stay in epoch order, so the result equals the width-1 reference, and
    a re-replay is a no-op."""
    wal_dir, wcfg, oracle = wal_basic
    lake = _lake(tmp_path, "lake_cow", "cow")
    replay(spark, lake, wal_dir, _cfg(wcfg))
    ref = _sequential(spark, tmp_path, wal_dir, wcfg, "cow")
    _assert_same_as_sequential(spark, lake, ref, oracle)
    assert replay(spark, lake, wal_dir, _cfg(wcfg)) == []


def test_pipelined_resume_after_partial(spark, wal_basic, tmp_path):
    """Stop a MoR replay after 2 epochs and resume it: identical to the
    width-1 reference (the ledger skips the committed epochs)."""
    wal_dir, wcfg, oracle = wal_basic
    lake = _lake(tmp_path, "lake_resume", "mor")
    replay(spark, lake, wal_dir, _cfg(wcfg), max_epochs=2)
    assert sorted(lake.committed_epochs()) == [0, 1]
    replay(spark, lake, wal_dir, _cfg(wcfg))
    ref = _sequential(spark, tmp_path, wal_dir, wcfg, "mor")
    _assert_same_as_sequential(spark, lake, ref, oracle)


@pytest.mark.parametrize("mode,width", [("mor", 4), ("cow", 1)])
def test_stage_width(spark, wal_basic, tmp_path, monkeypatch, mode, width):
    """A MoR replay stages one epoch per core (all 4 of wal_basic's epochs
    under local[8]), a COW replay one at a time; each stage's jobs carry
    its epoch's description on the worker thread alone. Every stage is
    held until 4 are in flight (or a deadline passes), so the peak shows
    the pool width rather than how the stages happened to overlap."""
    wal_dir, wcfg, oracle = wal_basic
    sc = spark.sparkContext
    real = runner.prepare_epoch
    cv = threading.Condition()
    seen = {"now": 0, "peak": 0, "desc": {}}

    def counting(spark_, lake_, batch, k, *a, **kw):
        with cv:
            seen["now"] += 1
            seen["peak"] = max(seen["peak"], seen["now"])
            seen["desc"][k] = sc.getLocalProperty("spark.job.description")
            cv.notify_all()
            cv.wait_for(lambda: seen["now"] >= 4, timeout=30 if mode == "mor" else 0.5)
        try:
            return real(spark_, lake_, batch, k, *a, **kw)
        finally:
            with cv:
                seen["now"] -= 1

    monkeypatch.setattr(runner, "prepare_epoch", counting)
    lake = _lake(tmp_path, f"lake_width_{mode}", mode)
    sc.setJobDescription("caller")
    try:
        replay(spark, lake, wal_dir, _cfg(wcfg))
        caller = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.job.description", None)
        monkeypatch.undo()

    assert seen["peak"] == width
    assert seen["desc"] == {k: f"cdc epoch={k} stage" for k in range(4)}
    assert caller == "caller"
    ref = _sequential(spark, tmp_path, wal_dir, wcfg, mode)
    _assert_same_as_sequential(spark, lake, ref, oracle)
