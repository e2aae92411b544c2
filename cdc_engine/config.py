"""Typed configuration for the CDC engine (SURVEY.md §7.5)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar


@dataclass(frozen=True)
class CdcConfig:
    """Tuning + semantics knobs for one ingest/replay pipeline.

    Each storage mode has one apply path: rows with a null url, warc_ts
    or seq are quarantined, and every epoch is LWW-deduplicated per url
    with a row_number window over (warc_ts, seq); a MoR epoch then appends
    the winners as a delta, and a COW epoch rewrites its touched buckets
    with a one-exchange union+window merge. Replay has one loop: it
    stages epochs ahead on a small pool (two for MoR, one for COW —
    ``runner.STAGE_WIDTH``) and commits them in epoch order, running
    ``maybe_compact`` after every commit. All defaults are sized for the sandbox (local[32],
    sf<=0.1 fixtures); on a real cluster scale ``n_buckets`` with executor
    count (see BENCH/BASELINE.md).
    """

    # the only LWW dedup strategy (dedup.lww_dedup); a constant, not a field
    dedup_strategy: ClassVar[str] = "window"

    # deterministic epoch cutting for the bounded replay path: epoch k owns
    # seqs [k*events_per_epoch, (k+1)*events_per_epoch)  (SURVEY.md §3.2)
    events_per_epoch: int = 5_000

    # SnapLake layout: data files are bucketed by pmod(xxhash64(url), n_buckets)
    # so MERGE only rewrites touched buckets (Iceberg bucket-partition analog)
    n_buckets: int = 16

    # column-mapping normalizer: {wal_column_name: table_column_name}
    column_mapping: dict[str, str] = field(default_factory=dict)

    # where quarantined rows (null url/warc_ts/seq) are persisted (None =
    # count them in lineage but drop the payload; main.py defaults this to
    # <lake>/quarantine)
    quarantine_dir: str | None = None

    # rewrite a bucket when it accumulates more than this many data files
    compact_after_files: int = 8
