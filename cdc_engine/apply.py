"""apply_epoch: the whole CDC apply for one micro-batch (SURVEY.md §3.1).

Pure function of (batch contents, epoch_id, lake state): normalize ->
validate/quarantine -> LWW dedup (its window hash-partitions on url) ->
MERGE (which atomically commits data + ledger + lineage). It is
``commit_epoch(prepare_epoch(...))``: the prepare is state-independent,
the commit reads or publishes table state. The streaming path
(foreachBatch) calls apply_epoch; the deterministic replay path runs the
two halves itself, prepares ahead and commits in epoch order.

Ledger identity: the ledger keys on epoch_id, but replay numbers epochs by
seq range while streaming uses Spark batch ids — and both share one lake
ledger. A bare epoch-id match could therefore silently skip a batch whose
CONTENTS were never applied (resume with a fresh checkpoint, changed
--events-per-epoch, replay over a streamed lake). Before honoring a ledger
hit, apply_epoch verifies the committed entry's recorded [first_seq,
last_seq] against the incoming batch and raises ``LedgerSeqMismatch``
loudly on disagreement — the Delta idempotent-writer (txnAppId/txnVersion)
analog, expressed as range verification instead of writer namespacing.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_engine.config import CdcConfig
from cdc_engine.dedup import lww_dedup
from cdc_engine.lake import (
    VALID_SQL,
    SnapLake,
    StagedMerge,
    batch_input_stats,
    input_stats_from,
    observe_input,
)
from cdc_engine.normalize import apply_mapping
from cdc_engine.timing import phase


class LedgerSeqMismatch(RuntimeError):
    """An epoch_id is already in the ledger but its recorded seq range does
    not match the batch being applied — the ledger entry belongs to a
    different batching of the WAL. Skipping would lose data; failing loudly
    forces the operator to replay into a fresh lake or fix the batching
    parameters (events_per_epoch / checkpoint)."""


def _verify_ledger_hit(
    entry: dict,
    epoch_id: int,
    batch_range: tuple[int, int] | None,
    expected_window: tuple[int, int] | None,
) -> None:
    """When both bounds are given (streaming fast path: window AND exact
    batch range derived from the trigger files' footers), both directions
    are enforced — entry inside the window AND batch inside the entry —
    i.e. range equality up to bounds. A one-directional check would let a
    re-batched stream (changed maxFilesPerTrigger over a stale checkpoint)
    silently skip the half of a wider batch the entry never covered."""
    e_lo, e_hi = entry.get("first_seq"), entry.get("last_seq")
    if expected_window is not None:
        lo, hi = expected_window
        if e_lo is None or e_hi is None or e_lo < lo or e_hi >= hi:
            raise LedgerSeqMismatch(
                f"epoch {epoch_id} is committed with seq range [{e_lo}, {e_hi}] "
                f"but this replay cuts epoch {epoch_id} as seq window [{lo}, {hi}) "
                f"— the ledger entry came from a different batching; refusing to "
                f"skip (data loss). Replay into a fresh lake or restore the "
                f"original events_per_epoch."
            )
    if batch_range is not None:
        lo, hi = batch_range
        if e_lo is None or e_hi is None or lo < e_lo or hi > e_hi:
            raise LedgerSeqMismatch(
                f"epoch {epoch_id} is committed with seq range [{e_lo}, {e_hi}] "
                f"but the re-delivered batch spans [{lo}, {hi}] — contents were "
                f"never applied under this epoch id (stale checkpoint / changed "
                f"trigger batching); refusing to skip."
            )


def apply_epoch(
    spark: SparkSession,
    lake: SnapLake,
    batch_df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig | None = None,
    quarantine_dir: str | None = None,
    expected_seq_range: tuple[int, int] | None = None,
    pid_bounds: tuple[int, int] | None = None,
    batch_seq_range: tuple[int, int] | None = None,
) -> dict[str, Any] | None:
    """Apply one epoch — ``commit_epoch(prepare_epoch(...))``; returns
    commit stats, or None if the epoch was already committed / the batch
    is empty (both are safe no-ops).

    ``expected_seq_range``: the [lo, hi) seq window this epoch id is
    DEFINED to own (the replay path knows it without any Spark work);
    ledger hits are verified against it. Streaming callers that cannot
    derive it leave it None and a ledger hit is verified against the
    batch's actual min/max seq (one narrow aggregate on the rare
    re-delivery path only).

    ``batch_seq_range``: the batch's EXACT inclusive (min_seq, max_seq),
    when the caller knows it without a Spark job (streaming foreachBatch
    derives it from the trigger files' parquet footers —
    source.footer_epoch_bounds). Passed together with
    ``expected_seq_range`` it upgrades the no-job ledger check to range
    equality, preserving the slow path's contents-were-applied guarantee.

    ``pid_bounds``: optional (min, max) bound on source_partition values
    (from WAL parquet footer stats — source.partition_pid_bounds). With it
    AND an expected seq window, a MoR epoch takes the ZERO-EXTRA-JOB fast
    path: input stats, quarantine counts, touched buckets, and lineage all
    ride the write job's Observation, so the epoch is exactly ONE Spark
    job (the delta write). With it, a COW epoch's prepare is ONE job: its
    stats ride an Observation on the winners-cache materialization. Every
    job barrier is pure serial time at any cluster size.
    """
    prep = prepare_epoch(
        spark, lake, batch_df, epoch_id, cfg, quarantine_dir,
        expected_seq_range, pid_bounds, batch_seq_range,
    )
    return None if prep is None else commit_epoch(spark, lake, prep)


class PreparedEpoch:
    """A prepared COW epoch: everything computed about it BEFORE the
    merge — all of it a pure function of the batch contents, independent
    of table state. ``df`` is the persisted LWW winners; ``commit_epoch``
    merges and unpersists it, ``discard_epoch`` only unpersists it."""

    __slots__ = ("epoch_id", "df", "input_stats", "touched")

    def __init__(self, epoch_id, df, input_stats, touched):
        self.epoch_id = epoch_id
        self.df = df
        self.input_stats = input_stats
        self.touched = touched


def prepare_epoch(
    spark: SparkSession,
    lake: SnapLake,
    batch_df: DataFrame,
    epoch_id: int,
    cfg: CdcConfig | None = None,
    quarantine_dir: str | None = None,
    expected_seq_range: tuple[int, int] | None = None,
    pid_bounds: tuple[int, int] | None = None,
    batch_seq_range: tuple[int, int] | None = None,
) -> PreparedEpoch | StagedMerge | None:
    """The state-INDEPENDENT half of ``apply_epoch`` (same arguments),
    safe to run ahead of earlier epochs' commits. None for an empty or
    already-committed epoch (a ledger hit is verified first).

    COW: normalize, quarantine, LWW dedup into a persisted winners cache
    (a ``PreparedEpoch``); the merge reads the table the previous commit
    leaves, so it belongs to the commit. MoR: everything a merge does
    before publishing — plan, delta write, lineage resolve (a lake
    ``StagedMerge``); a delta never reads table state.

    Routes: the MoR fast path when ``expected_seq_range`` and
    ``pid_bounds`` are known; the COW one-job prepare whenever
    ``pid_bounds`` is known; the stats-job collect otherwise."""
    cfg = cfg or CdcConfig()
    if quarantine_dir is None:
        quarantine_dir = cfg.quarantine_dir
    man = lake.manifest()
    entry = lake.ledger_entry(epoch_id, man)
    if entry is not None and expected_seq_range is not None:
        # J4 idempotence fast-path: no Spark work — the expected window is
        # known a priori, so the ledger entry can be verified immediately
        _verify_ledger_hit(entry, epoch_id, batch_seq_range, expected_seq_range)
        return None

    df = apply_mapping(batch_df, cfg.column_mapping)
    mor = man.get("mode", "cow") == "mor"
    if mor and expected_seq_range is not None and pid_bounds is not None:
        return _stage_mor_fast(
            spark, lake, df, epoch_id, quarantine_dir, expected_seq_range, pid_bounds
        )
    if not mor and entry is None and pid_bounds is not None:
        return _prepare_cow_one_job(df, epoch_id, quarantine_dir, man, pid_bounds)
    prep = _prepare_stats_job(df, epoch_id, quarantine_dir, man, entry)
    if prep is None or not mor:
        return prep
    try:
        with phase("merge_total"):
            return lake._merge_stage(
                spark, prep.df, epoch_id, input_stats=prep.input_stats,
                touched_buckets=prep.touched,
            )
    finally:
        prep.df.unpersist()  # the delta write has consumed the winners


def commit_epoch(
    spark: SparkSession, lake: SnapLake, prep: PreparedEpoch | StagedMerge
) -> dict[str, Any] | None:
    """The state-DEPENDENT half of ``apply_epoch``; replay runs it on one
    thread in epoch order. COW: merge the winners into the touched
    buckets (the target read sees the previous commit). MoR: publish the
    staged delta."""
    if isinstance(prep, StagedMerge):
        with phase("merge_total"):
            return lake._merge_publish(prep)
    try:
        with phase("merge_total"):
            return lake.merge(
                spark, prep.df, prep.epoch_id, input_stats=prep.input_stats,
                touched_buckets=prep.touched,
            )
    finally:
        discard_epoch(prep)


def discard_epoch(prep: PreparedEpoch | StagedMerge) -> None:
    """Release a prepared epoch that will not be committed: unpersist a
    COW epoch's winners cache. A staged MoR epoch holds no cache; its
    unreferenced commit dir is debris the epoch's next stage clears."""
    if isinstance(prep, PreparedEpoch):
        prep.df.unpersist()


def _footer_pids(df: DataFrame, pid_bounds: tuple[int, int]) -> list[int | None]:
    """The pid list an input Observation unrolls: every source_partition
    inside the WAL-footer bound (a conservative superset — absent pids
    yield all-zero structs that are dropped)."""
    if "source_partition" not in df.columns:
        return [None]
    return list(range(pid_bounds[0], pid_bounds[1] + 1))


def _write_quarantine(df: DataFrame, quarantine_dir: str | None, epoch_id: int) -> None:
    """Persist the batch's invalid rows (rare path; always before the
    commit). Without a quarantine dir they are only counted in lineage."""
    if quarantine_dir is not None:
        df.where(~F.expr(VALID_SQL)).write.mode("append").parquet(
            os.path.join(quarantine_dir, f"epoch={epoch_id}")
        )


def _prepare_stats_job(
    df: DataFrame,
    epoch_id: int,
    quarantine_dir: str | None,
    man: dict,
    entry: dict | None,
) -> PreparedEpoch | None:
    """The stats-job prepare: ONE narrow pre-dedup aggregate
    (``batch_input_stats``) gives the per-source-partition input stats
    (ledger/lineage record the FULL consumed offset range — including
    quarantined rows — S6/S7), emptiness, quarantine counts and the
    touched buckets; then the quarantine write and the persisted LWW
    winners. A ledger hit is verified against the batch's seq span."""
    with phase("stats_agg"):
        input_stats, touched = batch_input_stats(df, man["n_buckets"])
    if not input_stats:
        return None
    if entry is not None:
        # streaming re-delivery: verify contents before honoring the skip
        los = [s["first_seq"] for s in input_stats if s["first_seq"] is not None]
        his = [s["last_seq"] for s in input_stats if s["last_seq"] is not None]
        if los and his:
            _verify_ledger_hit(entry, epoch_id, (min(los), max(his)), None)
        return None
    if any(s["rows_quarantined"] for s in input_stats):
        _write_quarantine(df, quarantine_dir, epoch_id)
    if not touched:
        return None  # every row was quarantined; nothing to commit

    # W1: one row per url — MUST precede a COW merge (several source rows
    # per url would make the LWW pick depend on more than the batch;
    # SURVEY.md §4 inv. 1). A MoR delta would tolerate multiplicity, but
    # deduping first collapses an update-heavy epoch ~100x BEFORE the wide
    # parquet write (measured 14.0 s eager vs 66.2 s writing the raw batch,
    # 12M events / 8 pinned cores). The dedup's window leaves the winners
    # hash-partitioned on url (J6).
    # cache the winners: the merge's write job consumes them (otherwise the
    # dedup shuffle re-runs per job)
    winners = lww_dedup(df.where(F.expr(VALID_SQL))).persist()
    return PreparedEpoch(epoch_id, winners, input_stats, touched)


def _prepare_cow_one_job(
    df: DataFrame,
    epoch_id: int,
    quarantine_dir: str | None,
    man: dict,
    pid_bounds: tuple[int, int],
) -> PreparedEpoch | None:
    """ONE-JOB COW prepare (round 7, the lever ``_stage_mor_fast`` gave
    MoR a round earlier): the per-pid input stats, quarantine counts and
    touched-bucket set ride an Observation on the raw batch BELOW the
    valid-filter + LWW dedup, and the winners-cache materializing count is
    the only action — no separate pre-dedup stats job (a full job barrier
    AND a second WAL scan per epoch). Quarantined rows are persisted in
    one extra job on that rare path only, still before the commit."""
    pids = _footer_pids(df, pid_bounds)
    observed, obs = observe_input(
        df, f"prep_e{epoch_id}", pids, n_buckets=man["n_buckets"]
    )
    winners = lww_dedup(observed.where(F.expr(VALID_SQL))).persist()
    with phase("prepare_one_job"):
        # a cache scan materializes whole partitions regardless of column
        # pruning; the merge's write job then reads straight from the cache
        winners.count()
    vals = obs.get
    input_stats = input_stats_from(vals, pids, epoch_id)
    if input_stats is None:
        winners.unpersist()
        return None
    touched = sorted(int(b) for b in (vals["_buckets"] or []))
    if any(s["rows_quarantined"] for s in input_stats):
        _write_quarantine(df, quarantine_dir, epoch_id)
    if not touched:
        winners.unpersist()
        return None  # every row was quarantined; nothing to commit
    return PreparedEpoch(epoch_id, winners, input_stats, touched)


def _stage_mor_fast(
    spark: SparkSession,
    lake: SnapLake,
    df: DataFrame,
    epoch_id: int,
    quarantine_dir: str | None,
    expected_seq_range: tuple[int, int],
    pid_bounds: tuple[int, int],
) -> StagedMerge | None:
    """MoR epoch as exactly ONE Spark job: an input Observation on the raw
    batch computes — per source partition, map-side — the input stats
    (rows/quarantined/seq range), and the merge's own lineage Observation
    on the written winners adds the lineage split and the touched-bucket
    set, so the pre-commit stats job (one full job barrier + one extra
    WAL scan per epoch) disappears.

    Quarantined rows are filtered before the write; if the Observation
    reports any, they are persisted in one extra job on that rare path
    only, still BEFORE the commit."""
    pids = _footer_pids(df, pid_bounds)
    observed, obs_in = observe_input(df, f"fast_in_e{epoch_id}", pids)
    winners = lww_dedup(observed.where(F.expr(VALID_SQL)))
    with phase("merge_total"):
        return lake._merge_stage(
            spark,
            winners,
            epoch_id,
            fast_obs=obs_in,
            fast_pids=pids,
            est_rows=expected_seq_range[1] - expected_seq_range[0],
            quarantine_writer=lambda: _write_quarantine(df, quarantine_dir, epoch_id),
        )
