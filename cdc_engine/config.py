"""Typed configuration for the CDC engine (SURVEY.md §7.5)."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import ClassVar


@dataclass(frozen=True)
class CdcConfig:
    """Tuning + semantics knobs for one ingest/replay pipeline.

    Each storage mode has one apply path: every epoch is LWW-deduplicated
    per url with a row_number window over (warc_ts, seq); a MoR epoch then
    appends the winners as a delta, and a COW epoch rewrites its touched
    buckets with a one-exchange union+window merge. All defaults are sized
    for the sandbox (local[32], sf<=0.1 fixtures); on a real cluster scale
    ``n_buckets`` with executor count (see BENCH/BASELINE.md).
    """

    # the only LWW dedup strategy (dedup.lww_dedup); a constant, not a field
    dedup_strategy: ClassVar[str] = "window"

    # deterministic epoch cutting for the bounded replay path: epoch k owns
    # seqs [k*events_per_epoch, (k+1)*events_per_epoch)  (SURVEY.md §3.2)
    events_per_epoch: int = 5_000

    # SnapLake layout: data files are bucketed by pmod(xxhash64(url), n_buckets)
    # so MERGE only rewrites touched buckets (Iceberg bucket-partition analog)
    n_buckets: int = 16

    # MoR replay epoch pipelining width: deltas never read table state and
    # the optimistic commit retry already serializes manifest publication,
    # so adjacent epochs can overlap — one epoch's serial tail (commit,
    # driver plan work, job-barrier latency) hides under the next epoch's
    # data-parallel work. 1 disables; COW replay is always sequential (an
    # epoch's target read depends on the previous commit).
    mor_pipeline: int = 2

    # COW replay prefetch depth: overlap epoch k+1's state-INDEPENDENT
    # phases (WAL scan, combined stats job, LWW dedup shuffle + cache
    # materialization) with epoch k's merge/commit. Unlike MoR pipelining,
    # COW merges themselves stay strictly ordered — the target read
    # depends on the previous commit — so only the pre-merge phases
    # overlap, gated on that state-read barrier. 0 disables.
    cow_prefetch: int = 1

    # explicit pre-merge repartition on pmod(xxhash64(url), P); 0 = let AQE decide
    repartition_urls: int = 0

    # column-mapping normalizer: {wal_column_name: table_column_name}
    column_mapping: dict[str, str] = field(default_factory=dict)

    # quarantine rows with null url/warc_ts instead of failing the epoch
    quarantine_invalid: bool = True

    # where quarantined rows are persisted (None = count them in lineage but
    # drop the payload; main.py defaults this to <lake>/quarantine)
    quarantine_dir: str | None = None

    # rewrite a bucket when it accumulates more than this many data files
    compact_after_files: int = 8
