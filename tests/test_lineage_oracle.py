"""Lineage rows checked against a sequential pandas reference.

For each epoch the reference LWW-dedups the epoch's events per url by
(warc_ts, seq), then classifies each winner against the table state the
previous epoch left behind (tombstones included): a winner strictly newer
than the url's current (warc_ts, seq) is an upsert or a delete, anything
else is late. MoR never reads table state, so its late count is None.
``bytes`` is the winners' html payload. The engine's lineage rows must
match per (epoch, source partition) on every apply route: the COW one-job
prepare (replay), the COW stats-job prepare (apply_epoch without
pid_bounds) and the MoR fast path (replay).
"""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from cdc_engine import CdcConfig, SnapLake, apply_epoch, replay
from cdc_engine.schemas import PAGES_SCHEMA_V1
from cdc_engine.source import read_seq_range

COLS = [
    "epoch_id", "partition_id", "first_seq", "last_seq", "rows_in",
    "rows_quarantined", "rows_upserted", "rows_deleted", "rows_late_ignored",
    "bytes",
]


def _wal_events(wal_dir: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(wal_dir, "v*", "segment-*.parquet")))
    cols = ["seq", "op", "url", "warc_ts", "html", "source_partition"]
    ev = pd.concat([pd.read_parquet(f, columns=cols) for f in files])
    return ev.sort_values("seq").reset_index(drop=True)


def _reference(events: pd.DataFrame, per_epoch: int, mode: str) -> list[tuple]:
    state: dict[str, tuple] = {}  # url -> (warc_ts, seq) of the live row or tombstone
    out = []
    for k in range((len(events) + per_epoch - 1) // per_epoch):
        batch = events[(events["seq"] >= k * per_epoch) & (events["seq"] < (k + 1) * per_epoch)]
        winners = (
            batch.sort_values(["warc_ts", "seq"], kind="mergesort")
            .groupby("url", sort=False)
            .tail(1)
        )
        per_pid: dict[int, list[int]] = {}
        for w in winners.itertuples(index=False):
            acc = per_pid.setdefault(int(w.source_partition), [0, 0, 0, 0])
            key = (w.warc_ts, int(w.seq))
            cur = state.get(w.url)
            if mode == "cow" and cur is not None and key <= cur:
                acc[2] += 1
            else:
                acc[1 if w.op == "delete" else 0] += 1
                state[w.url] = key
            acc[3] += 0 if w.html is None else len(w.html)
        for pid, g in batch.groupby("source_partition"):
            up, dele, late, nbytes = per_pid[int(pid)]
            out.append((
                k, int(pid), int(g["seq"].min()), int(g["seq"].max()), len(g), 0,
                up, dele, late if mode == "cow" else None, nbytes,
            ))
    return sorted(out)


@pytest.mark.parametrize(
    "mode,route",
    [("cow", "replay"), ("cow", "stats_job"), ("mor", "replay")],
    ids=["cow_prefetch", "cow_stats_job", "mor"],
)
def test_lineage_matches_sequential_reference(spark, wal_evolving, tmp_path, mode, route):
    wal_dir, wcfg, _oracle = wal_evolving
    lake = SnapLake.create(
        str(tmp_path / f"lake_{mode}_{route}"), PAGES_SCHEMA_V1, n_buckets=16, mode=mode
    )
    cfg = CdcConfig(events_per_epoch=wcfg.events_per_epoch, n_buckets=16)
    if route == "replay":
        replay(spark, lake, wal_dir, cfg)
    else:
        # apply_epoch without pid_bounds takes the stats-job prepare
        e = wcfg.events_per_epoch
        for k in range(-(-wcfg.n_events // e)):
            batch = read_seq_range(spark, wal_dir, k * e, (k + 1) * e)
            apply_epoch(spark, lake, batch, k, cfg, expected_seq_range=(k * e, (k + 1) * e))

    got = sorted(
        tuple(None if v is None else int(v) for v in r)
        for r in lake.lineage_df(spark).select(*COLS).collect()
    )
    want = _reference(_wal_events(wal_dir), wcfg.events_per_epoch, mode)
    assert got == want
